"""Vector math over ``array<float>`` embedding columns.

Built-in higher-order functions (``aggregate``/``zip_with``) keep the
dot product / norms JVM-side — no Python, no UDF, vectorized by
whole-stage codegen. Computation is in double precision so results are
comparable with a DuckDB oracle (``list_cosine_similarity`` on
DOUBLE[]).
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
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
