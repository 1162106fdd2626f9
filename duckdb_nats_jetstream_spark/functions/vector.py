"""Vector math over ``array<float>`` embedding columns — built-in higher-order
functions only (JVM-side), no Python in the hot path.

Cross-engine exactness: both the Spark and the DuckDB mirror compute the dot
product as a *left fold in index order over doubles* (each float32 element
cast to double before multiplying), so the resulting doubles are bit-identical
— sqrt and division are single correctly-rounded IEEE ops. Scores are still
rounded to 6 decimals at the query boundary out of caution; for continuous
random values the residual halfway-risk is ~1e-13 per value.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product as a left fold over doubles (``dim`` accepted for API
    symmetry; measured note: a 64-term unrolled sum expression was tried and
    is ~2-6× SLOWER — the huge expression tree falls out of whole-stage
    codegen into interpreted eval. For quadratic all-pairs workloads use
    ``functions.vector_np.pairwise_cosine`` instead, which reproduces this
    fold bit-for-bit in numpy)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def sql_dot(a: str, b: str) -> str:
    # same left fold, index order, double math
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def sql_norm(a: str) -> str:
    return f"sqrt({sql_dot(a, a)})"


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))
