"""Vector math over ``array<float>`` embedding columns.

Pure column expressions (F.aggregate / F.zip_with) — JVM-side, no Python
round-trip, so the brute-force similarity path stays in codegen. Elements
are cast to double before multiply/accumulate so Spark and DuckDB perform
identical IEEE-754 arithmetic (oracle parity; SURVEY.md §7.4 item 6).
``cosine_sql`` writes the same cosine as DuckDB SQL for the oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Null (not ANSI DIVIDE_BY_ZERO) for zero-norm vectors — oracle SQL
    mirrors this with nullif on the denominator."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine_similarity` for oracle SQL over array
    expressions ``a`` and ``b``: ``list_inner_product`` on DOUBLE[] folds
    left to right like ``dot``, and the zero-norm case is NULL."""
    return (
        f"list_inner_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        f" / nullif(sqrt(list_inner_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        f" * sqrt(list_inner_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))), 0.0)"
    )
